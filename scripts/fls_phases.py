#!/usr/bin/env python
"""Per-phase cost of one ``fls_batch`` request: engine CPU (driver
Python, driver JVM, Python workers), Spark jobs and Janino compiles.

Runs the ``fls_batch`` benchmark's request (``perfbench/fls_batch.py``)
phase by phase, each pass over fresh seeded quotes:
- build: ``Featurizer.run`` of the benchmark's config, persisted;
- force: a noop write of that FeatureLabelSet;
- split: ``time_split``;
- train: ``train_regressor`` on the train split;
- score: ``score`` on the test split, aggregated to one row.

Two untimed warm-up passes come first (the benchmark's ``WARM_ROWS``),
then ``--passes`` timed ones. Per phase it prints the median over the
timed passes of:
- engine CPU, as ``perfbench.common.engine_cpu_s`` reads it (JIT
  compiler threads excluded), and its three parts: this driver Python
  process's own CPU, the Python workers' (``scripts/pytask_cost.py``)
  and the rest, the driver JVM;
- wall time;
- the Spark jobs the phase ran (a job group per phase);
- the classes Janino compiled (the count of Spark's ``CodegenMetrics``
  compilation-time histogram; code found in the codegen cache is not
  compiled again).

    python scripts/fls_phases.py                    # 6 passes of 30k quotes
    python scripts/fls_phases.py --passes 10 --rows 200000

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
from perfbench.fls_batch import FEATURES, LABEL, ROWS, WARM_ROWS, config  # noqa: E402
from pytask_cost import python_worker_cpu_s  # noqa: E402

PHASES = ("build", "force", "split", "train", "score")
COLUMNS = ("engine_cpu_s", "driver_py_s", "driver_jvm_s", "py_workers_s", "wall_s", "jobs", "compiles")


def run_pass(spark, path: str, tag: str) -> dict[str, dict[str, float]]:
    """One request over the quotes at ``path``: phase -> COLUMNS."""
    from pyspark.sql import functions as F

    from svoe_spark.consumers.trainer import score, time_split, train_regressor
    from svoe_spark.plans.featurizer import Featurizer

    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    state: dict = {}

    def build():
        state["fls"] = Featurizer(spark).run(config(path)).persist()

    def split():
        state["train"], _valid, state["test"] = time_split(state["fls"])

    def train():
        state["model"] = train_regressor(state["train"], FEATURES, LABEL)

    def score_():
        pred = F.col("prediction")
        score(state["model"], state["test"]).agg(
            F.count(F.lit(1)), F.sum(F.when(pred.isNull() | F.isnan(pred), 1).otherwise(0))
        ).first()

    steps = {"build": build, "force": lambda: force(state["fls"]), "split": split, "train": train, "score": score_}
    out = {}
    try:
        for phase in PHASES:
            group = f"fls_phases-{tag}-{phase}"
            sc.setJobGroup(group, phase)
            cpu0, py0, workers0, c0 = engine_cpu_s()[0], _own_cpu_s(), python_worker_cpu_s(jvm_pid), compiles.getCount()
            t0 = time.perf_counter()
            steps[phase]()
            wall = time.perf_counter() - t0
            cpu, py, workers = engine_cpu_s()[0] - cpu0, _own_cpu_s() - py0, python_worker_cpu_s(jvm_pid) - workers0
            out[phase] = {
                "engine_cpu_s": cpu, "driver_py_s": py, "driver_jvm_s": cpu - py - workers,
                "py_workers_s": workers, "wall_s": wall,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "compiles": compiles.getCount() - c0,
            }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        if "fls" in state:
            state["fls"].unpersist(blocking=True)
        spark.catalog.clearCache()
    return out


def _own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--passes", type=int, default=6)
    p.add_argument("--rows", type=int, default=ROWS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    opts = p.parse_args(argv)

    run_dir = os.path.join(WORK, f"fls_phases-{os.getpid()}")
    os.makedirs(run_dir)
    prepare_env(run_dir, opts.cores)
    spark = start_session(run_dir, opts.cores, traced=False)
    try:
        passes = []
        for k, rows in enumerate([*WARM_ROWS, *[opts.rows] * opts.passes]):
            path = os.path.join(run_dir, f"quotes-{k}.parquet")
            gen.write_parquet(gen.quotes(opts.seed * 1000 + k, rows), path)
            res = run_pass(spark, path, str(k))
            if k >= len(WARM_ROWS):
                passes.append(res)
                print(f"pass {k - len(WARM_ROWS)}: "
                      + " ".join(f"{ph}={res[ph]['engine_cpu_s']:.2f}" for ph in PHASES), file=sys.stderr, flush=True)
        print(f"median of {len(passes)} passes of {opts.rows} quotes, {opts.cores} cores")
        print(f"{'phase':>6} " + " ".join(f"{c:>13}" for c in COLUMNS))
        for phase in (*PHASES, "pass"):
            per_pass = [{c: sum(r[ph][c] for ph in PHASES) for c in COLUMNS} if phase == "pass" else r[phase]
                        for r in passes]
            meds = {c: median([r[c] for r in per_pass]) for c in COLUMNS}
            print(f"{phase:>6} " + " ".join(
                f"{meds[c]:>13.3f}" if c.endswith("_s") else f"{meds[c]:>13g}" for c in COLUMNS))
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
