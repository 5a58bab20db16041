#!/usr/bin/env python
"""Sharded test runner for the builder loop.

pytest-xdist (and execnet) are not installable in this container, so
`pytest tests/ -q` is strictly serial — ~23 min at ~700 tests, almost
all of it Spark job latency that one JVM cannot overlap. This runner
splits test FILES across N concurrent pytest processes, each with its
OWN SparkSession sized to its share of the CPUs (SPARK_GRAFT_CPUS),
greedy-packed by measured per-file cost so the shards finish together.

Deliberately OPT-IN: the plain `pytest tests/ -q` contract (what CI
or a reviewer runs) is untouched; this is the fast inner loop.

Usage: python scripts/ptest.py [-n SHARDS] [extra pytest args...]
Exit code is non-zero if any shard fails; per-shard tails are printed.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile

# measured per-file wall cost (round-8 refresh: round-7 durations
# adjusted for the round-8 additions — pagerank gained the fixpoint +
# mode-equality stress tests, oracle_parity tracks the 201-query
# registry; the files edited when the test-only library functions were
# deleted re-timed one at a time with `-m "not slow"` at 2 cores);
# unknown/new files get a default weight — refresh occasionally
WEIGHTS = {
    "test_oracle_parity.py": 265, "test_pagerank.py": 190,
    "test_asof_property.py": 101,
    "test_orderbook.py": 86, "test_spans_property.py": 73, "test_pq.py": 69,
    "test_dedup_index.py": 67, "test_featurizer_fused.py": 70,
    "test_featurizer_stream.py": 73,
    "test_cleaning_property.py": 53, "test_streaming_asof.py": 52,
    "test_plan_quality.py": 46,
    "test_stream_api.py": 41, "test_point_in_time.py": 40,
    "test_streaming.py": 37,
    "test_sketches.py": 36, "test_cleaning.py": 35,
    "test_empty_inputs.py": 31, "test_storage_ingest.py": 31,
    "test_curation.py": 30, "test_scd_store.py": 29,
    "test_quant.py": 29, "test_graph.py": 27, "test_pair_blocking.py": 26,
    "test_events_analytics.py": 26,
    "test_tokenizer.py": 20, "test_quality_checks.py": 19,
    "test_selection.py": 19, "test_window_ops.py": 18,
    "test_orderbook_property.py": 18,
    "test_profiling.py": 16,
    "test_streaming_flagship.py": 35, "test_rollup.py": 14,
    "test_similarity_train.py": 14, "test_multimodal.py": 14,
    "test_library_reach.py": 2, "test_hot_key_gate.py": 17,
}
DEFAULT_WEIGHT = 12


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--shards", type=int, default=4)
    ap.add_argument("rest", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "tests", "test_*.py")))
    files.sort(key=lambda f: -WEIGHTS.get(os.path.basename(f), DEFAULT_WEIGHT))
    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(args.shards)]
    for f in files:  # greedy: heaviest file into the lightest shard
        w = WEIGHTS.get(os.path.basename(f), DEFAULT_WEIGHT)
        i = min(range(args.shards), key=lambda j: bins[j][0])
        bins[i] = (bins[i][0] + w, bins[i][1] + [f])

    cpus = max(2, (os.cpu_count() or 32) // args.shards)
    procs = []
    logs = []
    for i, (_, shard_files) in enumerate(bins):
        if not shard_files:
            continue
        log = tempfile.NamedTemporaryFile(
            "w+", prefix=f"ptest_shard{i}_", suffix=".log", delete=False
        )
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        procs.append(
            subprocess.Popen(
                # explicit -m overrides pytest.ini's default tier ("not
                # slow and not heavy"): the sharded runner ALWAYS runs
                # the heavy suites — only the plain-pytest quick tier
                # skips them. A user -m in args.rest wins (last -m).
                [sys.executable, "-m", "pytest", "-q", "-m", "not slow",
                 *args.rest, *shard_files],
                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root,
            )
        )
        logs.append(log)
    rc = 0
    for p, log in zip(procs, logs):
        p.wait()
        rc |= p.returncode
        log.flush()
        with open(log.name) as f:
            tail = f.readlines()[-3:]
        print(f"--- shard {log.name} (rc={p.returncode}) ---")
        print("".join(tail), end="")
    return rc


if __name__ == "__main__":
    sys.exit(main())
