#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one closed-loop client.

Run from the root of a checkout of the program:

    python3 perfbench/run.py --workload ask --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, measured in a traced
run. The line before it is a JSON object of details: effective
parallelism and memory, the workload's own named figures, and the first
failures, if any.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed when the run ends; the traced run also leaves
its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.getcwd()
PACKAGE = "project_graphdb_spark"
MAX_DRIVER_MB = 4096


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--inject-wrong",
        action="store_true",
        help="corrupt the first correct answer (checker self-test)",
    )
    return p.parse_args(argv)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(work: str) -> dict:
    """Environment for the program, set before Spark starts: this
    host's cores, a driver heap well below host memory, and every
    scratch directory under this run's own work root."""
    cores = len(os.sched_getaffinity(0))
    driver_mb = min(MAX_DRIVER_MB, host_memory_mb() // 4)
    for sub in ("local", "tmp", "warehouse", "checkpoint", "calib"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CALIB_DIR": os.path.join(work, "calib"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    time.tzset()
    return {"cores": cores, "driver_mem_mb": driver_mb}


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def start_spark(work: str):
    from project_graphdb_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Release what the program keeps per session, stop Spark and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    from project_graphdb_spark.graph.algorithms import release_edge_layouts
    from project_graphdb_spark.spark_util import (
        free_all_persistent,
        release_lingering,
    )

    gateway = SparkContext._gateway
    try:
        release_lingering()
        release_edge_layouts(spark)
        free_all_persistent(spark, run_jvm_gc=False)
    finally:
        spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(args, spec: dict, work: str, env: dict) -> tuple[dict, dict]:
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS, Run

    spark, start_s = start_spark(work)
    try:
        tracer = Tracer(enabled=bool(args.trace))
        counters = SparkCounters(spark) if args.trace else None
        run = Run(spark, args, work, tracer, counters)
        figures = WORKLOADS[args.workload](run)
        pid = spark.sparkContext._gateway.proc.pid
        figures["setup_s"] = start_s + run.setup_s
        peak_rss_mb = jvm_peak_rss_mb(pid)
        if args.trace:
            layer = dict(run.layer)
            layer.update(run.counters.metrics(env["cores"]))
            layer["session.start_s"] = start_s
            layer["jvm.peak_rss_mb"] = peak_rss_mb
            from project_graphdb_spark.calibration import CalibAnchor

            anchor = CalibAnchor(spark)
            anchor.rep()  # builds the anchor dataset
            layer["host.anchor_s"] = anchor.rep()
            for name in ("request_p50_s", "throughput_per_s"):
                layer[f"trace.{name}"] = figures[name]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            )
            wanted = spec["per_layer"]
            values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
        else:
            wanted = spec["end_to_end"]
            values = {m["name"]: figures[m["name"]] for m in wanted}
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "parallelism": env,
            "session_start_s": start_s,
            "jvm_peak_rss_mb": peak_rss_mb,
            **run.detail,
            "failures": run.failures[:10],
        }
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        return result, detail
    finally:
        stop_spark(spark)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {PACKAGE}/ here; run from the root of a "
            "checkout of the program",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    signal.signal(signal.SIGTERM, _terminate)
    work = os.path.join(
        ROOT, ".perfbench_work", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    try:
        env = configure(work)
        result, detail = run_workload(args, spec, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
