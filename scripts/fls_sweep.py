#!/usr/bin/env python
"""FeatureLabelSet size sweep: engine CPU, Python-worker CPU and
Python-worker peak RSS of ``Featurizer.run`` + force.

Builds the ``fls_batch`` benchmark's FeatureLabelSet (mid, relative
spread, 1m stddev, 1m pct-change, ewma; label = mid 10 s ahead) over
seeded quotes of growing size (64 instruments over 3 days, one holding
~40% of the rows, so a 1m window holds more rows as the size grows) and
prints, per size, the median engine CPU, wall time and Python-worker
CPU of ``--reps`` runs of ``Featurizer.run`` forced with a noop write,
and the Python workers' peak RSS. Engine CPU is that of
``perfbench.common.engine_cpu_s``: the driver Python, driver JVM and
Python workers, JIT compiler threads excluded. Python-worker CPU is
that of ``scripts/pytask_cost.py``: the ``python*`` processes under the
driver JVM, reaped children included. Python-worker peak RSS is the
largest ``VmHWM`` among those processes, read from ``/proc`` after the
size's runs. The workers are reused from size to size, so the figure is
cumulative: the peak over this size and every smaller one before it
(sizes run in ascending order).

    python scripts/fls_sweep.py                      # 30k, 200k, 2M rows
    python scripts/fls_sweep.py --rows 30000 --reps 3

Run from the root of a checkout. Inputs and Spark scratch go under
``.perfbench_work/`` and are deleted at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.common import WORK, engine_cpu_s, force, median, prepare_env, start_session  # noqa: E402
from perfbench.fls_batch import config  # noqa: E402
from pytask_cost import python_worker_cpu_s, python_workers  # noqa: E402


def python_worker_peak_rss_mb(root_pid: int) -> float:
    """The largest ``VmHWM`` (peak resident set) of the ``python*``
    processes under ``root_pid``, in MB."""
    peak_kb = 0
    for pid in python_workers(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                peak_kb = max([peak_kb] + [int(line.split()[1]) for line in f if line.startswith("VmHWM:")])
        except OSError:
            continue  # exited since listed
    return peak_kb / 1024


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--rows", type=int, nargs="+", default=[30_000, 200_000, 2_000_000])
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    opts = p.parse_args(argv)

    run_dir = os.path.join(WORK, f"fls_sweep-{os.getpid()}")
    os.makedirs(run_dir)
    prepare_env(run_dir, opts.cores)
    from svoe_spark.plans.featurizer import Featurizer

    spark = start_session(run_dir, opts.cores, traced=False)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    try:
        rows_out = []
        # the first, small run compiles every code path
        for k, rows in enumerate([5_000, *sorted(opts.rows)]):
            path = os.path.join(run_dir, f"quotes-{k}.parquet")
            gen.write_parquet(gen.quotes(opts.seed * 1000 + k, rows), path)
            cpus, walls, py_cpus = [], [], []
            for _ in range(opts.reps if k else 1):
                cpu0, _jit = engine_cpu_s()
                py0 = python_worker_cpu_s(jvm_pid)
                t0 = time.perf_counter()
                force(Featurizer(spark).run(config(path)))
                walls.append(time.perf_counter() - t0)
                cpus.append(engine_cpu_s()[0] - cpu0)
                py_cpus.append(python_worker_cpu_s(jvm_pid) - py0)
            if k:
                rss = python_worker_peak_rss_mb(jvm_pid)
                rows_out.append((rows, median(cpus), median(walls), median(py_cpus), rss))
                print(f"rows={rows} cpu_s={cpus} wall_s={walls} py_cpu_s={py_cpus}", file=sys.stderr, flush=True)
        print(f"{'rows':>10} {'engine cpu s':>13} {'wall s':>8} {'cpu us/row':>11}"
              f" {'py cpu s':>9} {'py peak rss mb':>15}")
        for rows, cpu, wall, py_cpu, rss in rows_out:
            print(f"{rows:>10} {cpu:>13.2f} {wall:>8.2f} {1e6 * cpu / rows:>11.1f}"
                  f" {py_cpu:>9.2f} {rss:>15.0f}")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
