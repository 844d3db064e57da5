#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fleet_edge --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones declared in
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken
from a traced run. A readable summary, and every failed check by
operation, go to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench_work"
HEAP = "1g"  # driver heap, far below host RAM


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def metrics_of(declared_units: dict, values: dict) -> dict:
    """The JSON metrics object: every declared name, nothing else."""
    if set(values) - set(declared_units):
        raise SystemExit(f"perfbench: undeclared metrics {sorted(set(values) - set(declared_units))}")
    if set(declared_units) - set(values):
        raise SystemExit(f"perfbench: missing metrics {sorted(set(declared_units) - set(values))}")
    return {n: {"value": float(values[n]), "unit": u} for n, u in declared_units.items()}


def start_spark(work: str):
    """``local[nproc]`` with a driver heap well below host RAM, every
    scratch directory inside ``work`` and no console progress bars."""
    from modelardb_rs_spark import make_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    tmp = os.path.join(work, "tmp")
    return make_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a pre-touched fixed heap, so GC timing does not move peak RSS
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("modelardb_rs_spark") is None:
        print("perfbench: modelardb_rs_spark not found; run from the repository root",
              file=sys.stderr)
        return 2
    spec = declared()
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        from perfbench import gen
        from perfbench.workloads import WORKLOADS, common_layers

        t0 = time.perf_counter()
        inputs = gen.write_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        generate_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_start_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                          bool(args.trace), inputs)
            e2e = wl.run()
            if args.trace:
                layers = dict.fromkeys(spec["per_layer"], 0.0)
                layers.update(common_layers(wl, session_start_s))
                layers.update(wl.layers)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, WORK_DIR))
        except OSError:
            pass

    ck = wl.checker
    metrics = metrics_of(spec["per_layer"] if args.trace else spec["end_to_end"],
                         layers if args.trace else e2e)
    print(f"workload {args.workload} seed {args.seed}: {ck.total} checked operations, "
          f"{ck.total_failed} failed; by operation {ck.by_op()}", file=sys.stderr)
    for d in ck.details:
        print(f"  FAILED {d}", file=sys.stderr)
    print(f"  phases: generate {generate_s:.1f}s, spark start {session_start_s:.1f}s, "
          + ", ".join(f"{k} {v:.1f}s" for k, v in wl.phases.items()), file=sys.stderr)
    for cls, xs in sorted(wl.lat.items()):
        print(f"  {cls}: n={len(xs)} median={statistics.median(xs):.4f}s", file=sys.stderr)
    print(f"  setup repetitions: {[round(t, 3) for t in wl.setup_reps]}", file=sys.stderr)
    print(f"  canaries: {[round(c, 3) for c in wl.canaries]}, speed factor {wl.speed:.3f}; "
          f"unscaled {({k: round(v, 4) for k, v in wl.raw.items()})}", file=sys.stderr)
    for n, m in metrics.items():
        print(f"  {n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": ck.total_failed == 0, "attempted": ck.total,
                      "failed": ck.total_failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
