#!/usr/bin/env python
"""Where the online path's CPU goes: per-burst CPU of each thread class
of ``Featurizer.run_stream``, and the ``chmod`` processes it forks.

Runs the ``stream_online`` feature graph (mid, 1m stddev, ewma fused in
one stateful operator, perfbench/stream_online.py) over a seeded quote
feed (``perfbench.gen.StreamFeeder``) into a ``foreachBatch`` sink, on a
perfbench-configured ``get_spark`` session. Two untimed batches (200 and
one burst of events) warm the query; then ``--bursts`` backlog bursts of
``--rows`` events are each written in one go and timed from just before
the stream can see the file until its last event is emitted.

CPU (user + system, from ``/proc``) is split into:

  python_workers    the Python worker daemon and its workers, reaped ones included
  executor_tasks    the driver JVM's "Executor task launch worker" threads
  stream_execution  the JVM's "stream execution thread" (planning, commit, offset logs)
  reaped_children   children the JVM has reaped (``jspawnhelper``/``chmod``,
                    forked by Hadoop's local ``setPermission``) plus its
                    "process reaper" threads that wait for them
  checksums         the JVM's checkpoint checksum threads (``ChecksumCheckpointFileManager``),
                    which write the state store's files
  other_jvm         every other JVM thread (GC, scheduler, RPC, ...)
  jit               the JIT compiler threads; not in ``engine``, as perfbench's
                    ``cpu_s`` leaves them out
  engine            the sum of all classes but ``jit``; the driver's own Python
                    process (the sink's collect, the poller) is in no class

A poller thread lists ``/proc`` every millisecond and counts the
``chmod`` and ``jspawnhelper`` processes it sees: a lower bound on the
forks, as one that starts and exits between two polls is missed.

    python scripts/stream_cost.py                  # 5 bursts of 50 000 events
    python scripts/stream_cost.py --bursts 3 --seed 2

Run from the root of a checkout; files go to a temporary directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.common import _stat_fields, prepare_env, start_session  # noqa: E402
from perfbench.stream_online import GAP_US, Sink, config  # noqa: E402
from pytask_cost import python_worker_cpu_s  # noqa: E402

CLASSES = (
    "python_workers", "executor_tasks", "stream_execution", "reaped_children", "checksums",
    "other_jvm", "jit",
)
#: JVM thread name prefix (``/proc`` keeps the first 15 characters) -> class
THREADS = {
    "Executor task l": "executor_tasks",
    "stream executio": "stream_execution",
    "process reaper": "reaped_children",
    "ChecksumCheckpo": "checksums",
    "C1 CompilerThre": "jit",
    "C2 CompilerThre": "jit",
}
FORKS = ("chmod", "jspawnhelper")


def snapshot(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of each class so far."""
    hz = os.sysconf("SC_CLK_TCK")
    secs = dict.fromkeys(CLASSES, 0.0)
    secs["python_workers"] = python_worker_cpu_s(jvm_pid)
    _, rest = _stat_fields(f"/proc/{jvm_pid}/stat")
    secs["reaped_children"] = sum(int(x) for x in rest[13:15]) / hz  # cutime, cstime
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, rest = _stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        except (OSError, ValueError):
            continue  # exited while listed
        cls = next((c for p, c in THREADS.items() if name.startswith(p)), "other_jvm")
        secs[cls] += sum(int(x) for x in rest[11:13]) / hz  # utime, stime
    return secs


class ForkPoller:
    """Counts the ``FORKS`` processes seen in ``/proc`` while running."""

    def __init__(self):
        self.seen: set[int] = set()
        self.forks = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="fork-poller", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.001):
            for name in os.listdir("/proc"):
                if not name.isdigit() or int(name) in self.seen:
                    continue
                self.seen.add(int(name))
                try:
                    with open(f"/proc/{name}/comm") as f:
                        self.forks += f.read().strip() in FORKS
                except OSError:
                    pass

    def __enter__(self):
        self.seen.update(int(n) for n in os.listdir("/proc") if n.isdigit())
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--bursts", type=int, default=5)
    p.add_argument("--rows", type=int, default=50_000, help="events per burst")
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    opts = p.parse_args(argv)

    run_dir = tempfile.mkdtemp(prefix="stream_cost-")
    watch, staging = os.path.join(run_dir, "in"), os.path.join(run_dir, "staging")
    os.makedirs(watch)
    os.makedirs(staging)
    prepare_env(run_dir, opts.cores)  # before svoe_spark reads SPARK_GRAFT_CPUS

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

    from svoe_spark.plans.featurizer import Featurizer
    from svoe_spark.streaming.sinks import foreach_batch
    from svoe_spark.streaming.sources import replay_parquet

    spark = start_session(run_dir, opts.cores, traced=False)
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        schema = StructType([
            StructField("instrument", StringType()), StructField("ts", TimestampType()),
            StructField("bid", DoubleType()), StructField("ask", DoubleType()),
        ])
        feeder = gen.StreamFeeder(opts.seed, watch, staging)
        sink = Sink()
        out = Featurizer(spark).run_stream(config(watch), replay_parquet(spark, watch, schema=schema))
        query = foreach_batch(out, sink, os.path.join(run_dir, "checkpoint"))
        try:
            start_us = int(time.time() * 1e6) - (opts.bursts + 2) * GAP_US
            for rows in (200, opts.rows):  # untimed: compile every code path
                feeder.burst(rows, start_us)
                sink.wait_rows(sink.rows + rows, query)
                start_us = feeder.last_us + GAP_US
            per_burst, forks = [], []
            for _ in range(opts.bursts):
                before = []
                with ForkPoller() as poller:
                    feeder.burst(opts.rows, feeder.last_us + GAP_US, lambda: before.append(snapshot(jvm_pid)))
                    sink.wait_rows(sink.rows + opts.rows, query)
                    after = snapshot(jvm_pid)
                per_burst.append({c: after[c] - before[0][c] for c in CLASSES})
                forks.append(poller.forks)
        finally:
            query.stop()
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"bursts={opts.bursts} rows_per_burst={opts.rows} cores={opts.cores} seed={opts.seed}")
    print(f"{'cpu_s per burst':<18} {'median':>7}  runs")
    for c in (*CLASSES, "engine"):
        xs = [sum(b[k] for k in CLASSES if k != "jit") if c == "engine" else b[c] for b in per_burst]
        print(f"{c:<18} {statistics.median(xs):7.2f}  {' '.join(f'{x:.2f}' for x in xs)}")
    print(f"{'chmod_forks_seen':<18} {statistics.median(forks):7.0f}  {' '.join(map(str, forks))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
