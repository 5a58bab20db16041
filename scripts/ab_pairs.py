#!/usr/bin/env python
"""Alternating A/B pairs of the benchmark: this checkout against a git
revision.

Exports ``--parent`` with ``git archive`` into a temporary directory (no
worktree, no change to the checkout), then, per workload, runs
``perfbench/run.py --seconds 6 --trace 0`` on both trees ``--pairs``
times, one run at a time. Pair ``i`` runs seed ``i`` on both trees, the
parent first in odd pairs and the change first in even ones. Before pair 1
each tree runs the first workload once, unmeasured, so that a one-time
effect (a tree's first class-data-sharing dump, a cold page cache for the
jars) does not land on pair 1 alone. Each run's
last-line JSON is parsed and printed as one line; then, per end-to-end
metric of BENCHMARK.json, each side's median, its quartile spread over
the median, and in how many pairs the change was better (in the
metric's ``better`` direction).

    python scripts/ab_pairs.py --parent HEAD~1 --pairs 5 --workload fls_batch
    python scripts/ab_pairs.py --parent main --pairs 10 --workload fls_batch stream_online

Run from the root of a checkout; the checkout is measured as it is on
disk, uncommitted edits included. It gates nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """``rev``'s committed tree, unpacked into ``dest``."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(tree: str, workload: str, seed: int) -> dict:
    """One benchmark run in ``tree``: its last-line JSON result, or
    ``{"error": ...}`` when the run printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "6", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.replace("\r", "\n").strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {(proc.stderr.strip().splitlines() or [''])[-1]}"}


def spread(xs: list[float]) -> float:
    """Quartile distance over the median."""
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("nan")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--parent", required=True, help="git revision to compare against")
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--workload", nargs="+", required=True)
    opts = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    parent = tempfile.mkdtemp(prefix="ab_pairs-")
    try:
        export(opts.parent, parent)
        trees = {"parent": parent, "change": ROOT}
        for side in ("parent", "change"):
            res = run(trees[side], opts.workload[0], 1)
            print(f"{opts.workload[0]} warm-up {side}: {res.get('error') or 'unmeasured'}", flush=True)
        for workload in opts.workload:
            runs: dict[str, list[dict]] = {"parent": [], "change": []}
            for i in range(1, opts.pairs + 1):
                for side in ("parent", "change") if i % 2 else ("change", "parent"):
                    res = run(trees[side], workload, i)
                    runs[side].append(res)
                    vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.3f}"
                                    for m in metrics if m["name"] in res.get("metrics", {}))
                    status = res.get("error") or f"correct={res['correct']} failed={res['failed']}"
                    print(f"{workload} pair {i} {side:6} seed {i}: {status} {vals}", flush=True)
            for m in metrics:
                name, sign = m["name"], 1 if m["better"] == "lower" else -1
                vals = {s: [r["metrics"][name]["value"] if name in r.get("metrics", {}) else None
                            for r in rs] for s, rs in runs.items()}
                pairs = [(a, b) for a, b in zip(vals["parent"], vals["change"]) if a is not None and b is not None]
                won = sum(sign * (b - a) < 0 for a, b in pairs)
                sides = []
                for s in ("parent", "change"):
                    xs = [x for x in vals[s] if x is not None]
                    sides.append(f"{s} median {statistics.median(xs):.3f} spread {spread(xs):.3f}" if xs
                                 else f"{s} no value")
                print(f"{workload} {name}: {', '.join(sides)}; change better in {won} of {len(pairs)} pairs",
                      flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
