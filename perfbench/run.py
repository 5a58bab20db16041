#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload per process.

    python3 perfbench/run.py --workload fls_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up a Spark session on ``local[<cores>]``, measures for
``--seconds``, checks every output against a reference, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``; its per-layer metrics with ``--trace 1``). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("fls_batch", "stream_online")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] executor threads (default: the cores this process may use)",
    )
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the session, if one started, and wait for the driver JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    opts = parse_args(argv)
    warnings.filterwarnings("ignore", category=UserWarning)
    if not os.path.isfile(os.path.join(ROOT, "svoe_spark", "__init__.py")):
        print(f"perfbench: no svoe_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.common import WORK, emit, prepare_env

    opts.run_dir = os.path.join(WORK, f"{opts.workload}-{opts.seed}-{os.getpid()}")
    shutil.rmtree(opts.run_dir, ignore_errors=True)
    os.makedirs(opts.run_dir)
    prepare_env(opts.run_dir, opts.cores)
    opts.trace = bool(opts.trace)

    workload = importlib.import_module(f"perfbench.{opts.workload}")
    try:
        res = workload.run(opts)
        if opts.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            res["tracer"].write(
                os.path.join(WORK, "traces", f"{opts.workload}-seed{opts.seed}.json"),
                {"per_layer": res["per_layer"], "cores": opts.cores},
            )
    finally:
        stop_spark()
        shutil.rmtree(opts.run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if opts.trace else spec["end_to_end"]
    values = res["per_layer"] if opts.trace else res["end_to_end"]
    # a per-layer metric of a layer this workload does not run reads 0
    metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in wanted}
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:>16.6g} {unit}", flush=True)
    emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
