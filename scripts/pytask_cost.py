#!/usr/bin/env python
"""Fixed cost of a pandas-UDF task: Python-worker CPU per task and wall
time per job.

Runs a trivial 4-partition ``groupBy().applyInPandas`` (one small group
per partition, identity function) on a ``get_spark`` session: three
untimed jobs start and warm the Python workers, then ``--runs`` timed
jobs. Python-worker CPU is user + system time, read from ``/proc``, of
every ``python*`` process under the driver JVM (the daemon and the
workers it forked), including children already reaped; it is divided by
the number of tasks run.

    python scripts/pytask_cost.py             # 20 runs
    python scripts/pytask_cost.py --runs 50

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import _stat_fields  # noqa: E402

PARTITIONS = 4


def python_worker_cpu_s(root_pid: int) -> float:
    """CPU seconds of the ``python*`` processes under ``root_pid``."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            comm, rest = _stat_fields(f"/proc/{name}/stat")
        except (OSError, ValueError):
            continue  # exited while listed
        children.setdefault(int(rest[1]), []).append(int(name))
        # utime, stime, cutime, cstime
        stats[int(name)] = (comm, sum(int(x) for x in rest[11:15]))
    ticks = 0
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        comm, t = stats[pid]
        if comm.startswith("python"):
            ticks += t
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--runs", type=int, default=20)
    opts = p.parse_args(argv)

    from svoe_spark.session import get_spark

    spark = get_spark(
        "pytask_cost",
        master=f"local[{PARTITIONS}]",
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        # a user-set partition count: AQE leaves it alone, and the group-by
        # on the same key needs no second shuffle, so each job runs
        # PARTITIONS Python tasks
        df = spark.range(0, 64, numPartitions=PARTITIONS).selectExpr("id % 4 AS k", "id AS v")
        df = df.repartition(PARTITIONS, "k")
        job = df.groupBy("k").applyInPandas(lambda pdf: pdf, schema="k long, v long")
        for _ in range(3):
            job.collect()
        cpus, walls = [], []
        for _ in range(opts.runs):
            cpu0 = python_worker_cpu_s(jvm_pid)
            t0 = time.perf_counter()
            job.collect()
            walls.append(time.perf_counter() - t0)
            cpus.append(python_worker_cpu_s(jvm_pid) - cpu0)
        tasks = opts.runs * PARTITIONS
        print(f"runs={opts.runs} tasks={tasks}")
        print(f"python_worker_cpu_ms_per_task {1e3 * sum(cpus) / tasks:.1f}")
        print(
            f"wall_ms_per_job median {1e3 * statistics.median(walls):.0f}"
            f" min {1e3 * min(walls):.0f} max {1e3 * max(walls):.0f}"
        )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
