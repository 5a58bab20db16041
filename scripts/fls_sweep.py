#!/usr/bin/env python
"""FeatureLabelSet size sweep: engine CPU of ``Featurizer.run`` + force.

Builds the ``fls_batch`` benchmark's FeatureLabelSet (mid, relative
spread, 1m stddev, 1m pct-change, ewma; label = mid 10 s ahead) over
seeded quotes of growing size (64 instruments over 3 days, one holding
~40% of the rows, so a 1m window holds more rows as the size grows) and
prints, per size, the median engine CPU and wall time of ``--reps`` runs
of ``Featurizer.run`` forced with a noop write. Engine CPU is that of
``perfbench.common.engine_cpu_s``: the driver Python, driver JVM and
Python workers, JIT compiler threads excluded.

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
    try:
        rows_out = []
        # the first, small run compiles every code path
        for k, rows in enumerate([5_000, *opts.rows]):
            path = os.path.join(run_dir, f"quotes-{k}.parquet")
            gen.write_parquet(gen.quotes(opts.seed * 1000 + k, rows), path)
            cpus, walls = [], []
            for _ in range(opts.reps if k else 1):
                cpu0, _jit = engine_cpu_s()
                t0 = time.perf_counter()
                force(Featurizer(spark).run(config(path)))
                walls.append(time.perf_counter() - t0)
                cpus.append(engine_cpu_s()[0] - cpu0)
            if k:
                rows_out.append((rows, median(cpus), median(walls)))
                print(f"rows={rows} cpu_s={cpus} wall_s={walls}", file=sys.stderr, flush=True)
        print(f"{'rows':>10} {'engine cpu s':>13} {'wall s':>8} {'cpu us/row':>11}")
        for rows, cpu, wall in rows_out:
            print(f"{rows:>10} {cpu:>13.2f} {wall:>8.2f} {1e6 * cpu / rows:>11.1f}")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
